package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

/** `GraftFunctions.dot` registers graft_dot on every call, so a session
  * whose registry lost the function gets it back on the next call. */
class GraftFunctionsSpec extends SparkSpec {

  test("graft_dot resolves again after the session's registry drops it") {
    val s = spark.newSession()
    import s.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    def dot() = df.select(GraftFunctions.dot(s, col("a"), col("b"))).head().getDouble(0)
    assert(dot() == 32.0)
    s.sessionState.functionRegistry.dropFunction(FunctionIdentifier("graft_dot"))
    assert(dot() == 32.0)
  }
}
