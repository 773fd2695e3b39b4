package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join with NO join operator: union both sides, then one
  * key-partitioned window pass ordered by (time, side) carries the most
  * recent right-side row forward into each left row.
  *
  * This is the scale shape for as-of semantics when BOTH sides are large:
  * a broadcast range join (graft.backtest.Enrich.joinFundamentals) needs a
  * small right side, and a shuffled range join explodes on the range
  * predicate; the union form costs exactly one shuffle + one sort of
  * |left| + |right| rows — the same bill as any keyed aggregation — and
  * never materializes a (left × candidate) intermediate.
  *
  * The right row travels as ONE nullable struct (null marks left rows), so
  * a genuine NULL inside the matched row's payload survives — a per-column
  * `last(_, ignoreNulls)` would skip it and silently resurrect the value
  * from an OLDER right row.
  *
  * Semantics: for each left row, the latest right row of the same key with
  * `rightTime <= leftTime` (a right row is visible at its own timestamp).
  * `toleranceDays` optionally voids matches older than the window —
  * payloads null out, the left row survives (left-join semantics).
  * Duplicate (keys, rightTime) right rows are resolved DETERMINISTICALLY:
  * the row with the greatest `tieBreak` column wins (last-by-ordinal), or
  * the lexicographically-greatest payload struct when no tie-break is
  * given — never the physical union order, so results are stable across
  * partitionings and task retries.
  *
  * Reference behavior: join_fundamentals_to_trades.py:49-185 (publication-
  * lag as-of with a validity window) — proven equivalent to the
  * broadcast-range-join implementation in AsOfJoinSpec.
  */
object AsOfJoin {

  /** @param payload right-side columns to carry into left rows (may include
    *                the right time column itself; must not collide with
    *                left column names).
    * @param toleranceDays if set, a match only counts while
    *                      `datediff(leftTime, matchedRightTime) < toleranceDays`.
    * @param tieBreak optional right-side column ordering duplicate
    *                 (keys, rightTime) rows — the greatest value wins. Ties
    *                 on it (and the no-tie-break default) fall through to
    *                 the payload struct's lexicographic order, so the result
    *                 is total-ordered and deterministic either way. */
  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String, payload: Seq[String],
               toleranceDays: Option[Int] = None,
               tieBreak: Option[String] = None): DataFrame = {
    require(payload.nonEmpty, "as-of join needs at least one payload column")
    val reserved = (left.columns ++ right.columns).filter(_.startsWith("_asof_")).distinct
    require(reserved.isEmpty,
      s"input columns use the reserved _asof_ prefix: ${reserved.mkString(", ")}")
    val leftOther = left.columns.filterNot(c => keys.contains(c) || c == leftTime).toSeq
    val collisions = payload.intersect(leftOther ++ keys :+ leftTime)
    require(collisions.isEmpty,
      s"payload columns collide with left columns: ${collisions.mkString(", ")}")

    // the whole right row as one nullable struct; field _asof_mt carries the
    // match timestamp for the tolerance check even when it's not in payload
    val payStruct = struct(
      col(rightTime).as("_asof_mt") +: payload.map(col): _*)
    val structType = right.select(payStruct.as("p")).schema.head.dataType
    val leftSchema = left.select(leftOther.map(col): _*).schema
    // dedup sort key: among equal (keys, rightTime) right rows the GREATEST
    // (tieBreak, payload) sorts last, and last() carries it — ordering on
    // the existing _asof_p column (plus a bare _asof_tb when a tie-break is
    // given) rather than a second materialized struct, so the right payload
    // crosses the shuffle once, not twice
    val tbNull = tieBreak.toSeq.map(tb =>
      lit(null).cast(right.schema(tb).dataType).as("_asof_tb"))
    val tbRight = tieBreak.toSeq.map(tb => col(tb).as("_asof_tb"))

    val l = left.select(
      keys.map(col) ++
        Seq(col(leftTime).as("_asof_t"), lit(1).as("_asof_side"),
          lit(null).cast(structType).as("_asof_p")) ++
        tbNull ++
        leftOther.map(col): _*)
    val r = right.select(
      keys.map(col) ++
        Seq(col(rightTime).as("_asof_t"), lit(0).as("_asof_side"),
          payStruct.as("_asof_p")) ++
        tbRight ++
        leftSchema.fields.map(f => lit(null).cast(f.dataType).as(f.name)): _*)

    // right rows sort before left rows at the same timestamp: a right row
    // is visible to left rows of its own instant (rightTime <= leftTime);
    // _asof_tb/_asof_p only order right rows among themselves (sides never
    // compare on them), putting the winning duplicate last
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(Seq(col("_asof_t").asc, col("_asof_side").asc) ++
        tieBreak.toSeq.map(_ => col("_asof_tb").asc) :+ col("_asof_p").asc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastP = last(col("_asof_p"), ignoreNulls = true).over(w)
    val carried = toleranceDays match {
      case Some(days) =>
        when(datediff(col("_asof_t"), lastP.getField("_asof_mt")) < days, lastP)
      case None => lastP
    }
    l.unionByName(r)
      .select(
        keys.map(col) ++
          Seq(col("_asof_t"), col("_asof_side")) ++
          leftOther.map(col) :+
          carried.as("_asof_c"): _*)
      .where(col("_asof_side") === 1)
      .select(
        keys.map(col) ++
          Seq(col("_asof_t").as(leftTime)) ++
          leftOther.map(col) ++
          payload.map(c => col("_asof_c").getField(c).as(c)): _*)
  }
}
