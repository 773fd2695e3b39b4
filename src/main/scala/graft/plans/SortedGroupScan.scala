package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Distributed per-key ordered scan: `groupBy(keys).flatMapSortedGroups(order)`
  * streams every group through a [[SortedGroupScan.Scanner]] in `order`.
  *
  * This is the Spark-native replacement for the reference's one-symbol-at-a-
  * time Python loop (transform_time_series_daily_adjusted.py:725-791): every
  * group processed in a single linear pass with O(1) state, no per-group
  * materialization. The same cost shape as a shuffle-based aggregation, so it
  * scales to arbitrarily many keys and long histories (state per key does not
  * grow with history length).
  *
  * The plan is a plain `MapGroups` node that requires its child clustered by
  * `keys` and sorted by `keys ++ order`, so the planner adds an exchange and
  * a sort only where the input lacks them: a scan over the windowed feature
  * ladder reuses the ladder's exchange and sort by symbol, and a bucketed read
  * plans none.
  *
  * Used for the recursive indicator family (EMA/RSI/MACD/ATR — recurrences
  * SQL window frames can't express) and the backtest trade state machine.
  */
object SortedGroupScan {

  /** Per-group streaming state machine. */
  trait Scanner[S] extends Serializable {
    def init: S
    /** Process one row in group order; return new state + rows to emit. */
    def onRow(s: S, r: Row): (S, Iterator[Row])
    /** Emit trailing rows when the group ends (e.g. close open positions). */
    def onGroupEnd(@scala.annotation.unused s: S): Iterator[Row] = Iterator.empty
  }

  def apply[S](
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[Column],
      outSchema: StructType,
      scanner: Scanner[S]): DataFrame = {
    val keySchema = StructType(keyCols.map(df.schema(_)))
    df.groupBy(keyCols.map(col): _*)
      .as(Encoders.row(keySchema), Encoders.row(df.schema))
      .flatMapSortedGroups(orderCols: _*) { (_: Row, rows: Iterator[Row]) =>
        var state = scanner.init
        rows.flatMap { r =>
          val (next, out) = scanner.onRow(state, r)
          state = next
          out
        } ++ scanner.onGroupEnd(state)
      }(Encoders.row(outSchema))
      .toDF()
  }
}
