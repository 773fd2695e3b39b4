package graft.etl

import graft.SparkSpec

/** CDC semantics on a hand fixture: latest-wins with DELETE, the
  * delete-then-reinsert race, and SCD2 intervals closed by any next
  * change (deletes close without opening). */
class CdcSpec extends SparkSpec {

  private def fixture = {
    import spark.implicits._
    Seq(
      (1L, "a", 10.0, "I", 1), // plain insert, never touched again
      (7L, "b", 20.0, "I", 1), (7L, null.asInstanceOf[String], Double.NaN, "D", 3),
      (35L, "c", 30.0, "I", 1), (35L, null.asInstanceOf[String], Double.NaN, "D", 3),
      (35L, "c2", 35.0, "U", 4) // re-upsert after delete: latest wins
    ).toDF("symbol_id", "symbol", "acctbal", "op", "version")
  }

  test("applyChanges: latest-wins, deletes kill, later upsert resurrects") {
    val snap = Cdc.applyChanges(fixture, Seq("symbol_id"), "version", "op")
      .select("symbol_id", "symbol", "version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(snap == Set((1L, "a", 1), (35L, "c2", 4)), s"got $snap")
  }

  test("scd2: intervals close at the next change; deletes close without opening") {
    val hist = Cdc.scd2(fixture, Seq("symbol_id"), "version", "op")
      .select("symbol_id", "valid_from", "valid_to", "is_current").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]), r.getBoolean(3))).toSet
    assert(hist == Set(
      (1L, 1, None, true),
      (7L, 1, Some(3), false),        // closed by the delete, no current row
      (35L, 1, Some(3), false),
      (35L, 4, None, true)), s"got $hist")
  }
}
