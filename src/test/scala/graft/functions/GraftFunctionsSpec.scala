package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

/** graft's Column APIs build their Catalyst expressions directly: they
  * neither depend on nor write to the session's function registry. */
class GraftFunctionsSpec extends SparkSpec {

  test("graft_dot resolves again after the session's registry drops it") {
    val s = spark.newSession()
    import s.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    def dot() = df.select(GraftFunctions.dot(col("a"), col("b"))).head().getDouble(0)
    assert(dot() == 32.0)
    s.sessionState.functionRegistry.dropFunction(FunctionIdentifier("graft_dot"))
    assert(dot() == 32.0)
  }

  test("every Column API analyzes and runs without touching the function registry") {
    val s = spark.newSession()
    import s.implicits._
    def names() = s.sessionState.functionRegistry.listFunction().map(_.unquotedString).toSet
    val before = names()
    val df = Seq(
      (Seq(1.0, 2.0), Seq(3.0, 4.0), Seq("a b", "b c"), "k1", 1.5),
      (Seq(0.0, 0.5), Seq(1.0, 1.0), Seq("c d"), "k2", 2.5))
      .toDF("a", "b", "toks", "key", "v")
    val row = df
      .select(
        GraftFunctions.dot(col("a"), col("b")).as("dot"),
        NearestCell.nearest(col("a"), Array(Array(0.0, 0.0), Array(1.0, 2.0))).as("cell"),
        MinHashSig.sig(col("toks"), Array(3L, 5L), Array(7L, 11L), 2147483647L).as("sig"),
        SimHash64.fingerprint(col("toks")).as("fp"),
        col("key"), col("v"), Kmv.hash52Col(col("key")).as("h"))
      .agg(
        max(col("dot")), max(col("cell")), min(size(col("sig"))),
        count(col("fp")),
        Kmv.distinctCount(col("key"), 16),
        Kmv.distinctCountHashed(col("h"), 16),
        Kmv.sample(col("key"), col("v"), 16),
        Kmv.sampleHashed(col("h"), col("v"), 16),
        size(Kmv.stateHashed(col("h"), 16)))
      .head()
    assert(row.getDouble(0) == 11.0)
    assert(row.getInt(1) == 1)
    assert(row.getInt(2) == 2)
    assert(row.getLong(3) == 2L)
    assert(row.getLong(4) == 2L && row.getLong(5) == 2L)
    assert(row.getSeq[Double](6) == Seq(1.5, 2.5) && row.getSeq[Double](7) == Seq(1.5, 2.5))
    assert(row.getInt(8) == 2)
    assert(names() == before, s"registry changed by ${names() diff before}")
  }
}
