package graft.backtest

import java.sql.Date
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.SortedGroupScan

/** Backtest trade simulation (backtest_strategies.py:171-300): walk each
  * (strategy, symbol)'s signals in date order, opening on buys (skipped
  * inside the 60-day cooldown after an exit), closing on sells, and closing
  * leftovers at the strategy's global last signal date if that symbol has a
  * row there — exactly the reference's semantics.
  *
  * The reference iterates one global signals frame in a Python loop, but all
  * of its state (positions, cooldowns) is keyed by symbol and the sizing is
  * a constant fraction of initial capital, so a per-(strategy, symbol)
  * ordered scan is semantics-preserving and embarrassingly parallel — one
  * [[SortedGroupScan]] shuffle, O(1) state per group, linear in signals.
  *
  * Each strategy's last signal date is a `groupBy` maximum broadcast back to
  * the signals, not a window partitioned by strategy: the scan's input is
  * then clustered by (strategy, symbol), never inherited from an 11-way
  * strategy partitioning whose largest partition holds a whole strategy.
  */
object Simulator {
  val Cooldown = 60
  val InitialCapital = 100000.0
  val PositionSize = 0.1
  val Commission = 0.001

  val tradeSchema: StructType = StructType(Seq(
    StructField("trade_strategy", StringType),
    StructField("symbol_id", LongType),
    StructField("entry_date", DateType),
    StructField("exit_date", DateType),
    StructField("holding_days", IntegerType),
    StructField("entry_price", DoubleType),
    StructField("exit_price", DoubleType),
    StructField("shares", LongType),
    StructField("pnl", DoubleType),
    StructField("pnl_pct", DoubleType),
    StructField("commission", DoubleType),
    StructField("entry_value", DoubleType),
    StructField("exit_value", DoubleType)))

  private final class St {
    var hasPos = false
    var entryDate: Date = _
    var entryPrice = 0.0
    var shares = 0L
    var entryCommission = 0.0
    var cooldownUntilExitDate: Date = _
    var lastDate: Date = _
    var lastClose = 0.0
    var strategy: String = _
    var symbol = 0L
    var strategyLastDate: Date = _
  }

  /** signals must contain: trade_strategy, symbol_id, date, buy_signal,
    * sell_signal, close (signal-day close price). */
  def simulate(signals: DataFrame,
               cooldownDays: Int = Cooldown,
               initialCapital: Double = InitialCapital,
               positionSize: Double = PositionSize,
               commission: Double = Commission): DataFrame = {
    val lastDates = signals.groupBy(col("trade_strategy").as("last_strategy"))
      .agg(max(col("date")).as("strategy_last_date"))
    val withLast = signals
      .join(broadcast(lastDates), col("trade_strategy") <=> col("last_strategy"))
      .drop("last_strategy")
    val schema = withLast.schema
    val iStrat = schema.fieldIndex("trade_strategy")
    val iSym = schema.fieldIndex("symbol_id")
    val iDate = schema.fieldIndex("date")
    val iBuy = schema.fieldIndex("buy_signal")
    val iSell = schema.fieldIndex("sell_signal")
    val iClose = schema.fieldIndex("close")
    val iLast = schema.fieldIndex("strategy_last_date")

    def daysBetween(a: Date, b: Date): Int =
      java.time.temporal.ChronoUnit.DAYS.between(a.toLocalDate, b.toLocalDate).toInt

    def closeTrade(s: St, exitDate: Date, exitPrice: Double): Row = {
      val exitValue = s.shares * exitPrice
      val exitCommission = exitValue * commission
      val entryValue = s.shares * s.entryPrice
      val totalCommission = s.entryCommission + exitCommission
      val pnl = exitValue - entryValue - totalCommission
      Row(s.strategy, s.symbol, s.entryDate, exitDate,
        daysBetween(s.entryDate, exitDate), s.entryPrice, exitPrice, s.shares,
        pnl, pnl / entryValue * 100.0, totalCommission, entryValue, exitValue)
    }

    val scanner = new SortedGroupScan.Scanner[St] {
      def init: St = new St
      def onRow(s: St, r: Row): (St, Iterator[Row]) = {
        val date = r.getDate(iDate); val close = r.getDouble(iClose)
        s.strategy = r.getString(iStrat); s.symbol = r.getLong(iSym)
        s.strategyLastDate = r.getDate(iLast)
        s.lastDate = date; s.lastClose = close
        val inCooldown = s.cooldownUntilExitDate != null &&
          daysBetween(s.cooldownUntilExitDate, date) < cooldownDays
        var out: Iterator[Row] = Iterator.empty
        if (r.getBoolean(iBuy) && !s.hasPos && !inCooldown) {
          val shares = math.floor(initialCapital * positionSize / close).toLong
          if (shares > 0) {
            s.hasPos = true
            s.entryDate = date; s.entryPrice = close; s.shares = shares
            s.entryCommission = shares * close * commission
          }
        } else if (r.getBoolean(iSell) && s.hasPos) {
          out = Iterator.single(closeTrade(s, date, close))
          s.hasPos = false
          s.cooldownUntilExitDate = date
        }
        (s, out)
      }
      override def onGroupEnd(s: St): Iterator[Row] =
        if (s.hasPos && s.lastDate == s.strategyLastDate)
          Iterator.single(closeTrade(s, s.lastDate, s.lastClose))
        else Iterator.empty
    }
    SortedGroupScan(withLast, Seq("trade_strategy", "symbol_id"), Seq(col("date")),
      tradeSchema, scanner)
  }
}
