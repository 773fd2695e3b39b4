package graft.ann

import graft.SparkSpec
import graft.functions.NearestCell
import org.apache.spark.sql.functions._

/** [[NearestCell]] binds its centroid matrix into the expression itself:
  * re-running an ANN query against the same fit neither grows the
  * session's function registry nor changes the assignment (the round-11
  * ADVICE leak was one registry entry, and one pinned k·d snapshot, per
  * execution). */
class NearestCellRegistrySpec extends SparkSpec {

  private val m1 = Array(Array(0.0, 0.0), Array(1.0, 1.0))

  test("repeated registration does not grow the registry") {
    import spark.implicits._
    val before = spark.sessionState.functionRegistry.listFunction().size
    val df = Seq((1L, Seq(0.1, 0.2)), (2L, Seq(0.9, 1.1))).toDF("vec_id", "emb")
    val cells = (1 to 5).map { _ =>
      df.select(NearestCell.nearest(col("emb"), m1).as("cell"))
        .collect().map(_.getInt(0)).toSeq
    }
    val after = spark.sessionState.functionRegistry.listFunction().size
    assert(cells.distinct.size == 1, "assignment must be deterministic across calls")
    assert(cells.head == Seq(0, 1))
    assert(after == before,
      s"5 identical-fit queries grew the registry by ${after - before} entries")
  }
}
