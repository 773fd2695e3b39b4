package graft.relational

import graft.SparkSpec

/** Profile operator: the approx (HLL++) scale path tracks the exact
  * registered path, and its plan carries no Expand (the exact path's N×
  * multi-distinct blow-up is precisely what approx mode must avoid). */
class ProfileSpec extends SparkSpec {

  test("approx distinct counts stay within 5% of exact; all other stats identical") {
    // both registered table shapes, and both the verify (sf0.01) and bench
    // (sf0.1) scale factors — HLL++ is deterministic for fixed data, so a
    // green bound here is a permanent property of the shipped rsd
    val cases = Seq(
      ("lineitem", sf("sf0.01"), (d: String) => graft.Tables.lineitem(spark, d)),
      ("events", sf("sf0.01"), (d: String) => graft.Tables.events(spark, d)),
      ("lineitem", sf("sf0.1"), (d: String) => graft.Tables.lineitem(spark, d)),
      ("events", sf("sf0.1"), (d: String) => graft.Tables.events(spark, d)))
    cases.foreach { case (tname, dir, load) =>
      val df = load(dir)
      def keyed(exact: Boolean) =
        Profile.table(df, tname, exact)
          .collect().map(r => r.getString(1) -> r).toMap
      val ex = keyed(exact = true)
      val ap = keyed(exact = false)
      assert(ex.keySet == ap.keySet && ex.size == df.columns.length)
      ex.foreach { case (name, e) =>
        val a = ap(name)
        val (de, da) = (e.getLong(6), a.getLong(6))
        assert(math.abs(da - de) <= math.max(2L, (de * 0.05).toLong),
          s"$tname@$dir $name: approx distinct $da vs exact $de")
        // every non-distinct stat must be bit-identical between modes
        (0 until e.length).filterNot(_ == 6).foreach { i =>
          assert(e.get(i) == a.get(i), s"$tname@$dir $name field $i: ${e.get(i)} != ${a.get(i)}")
        }
      }
    }
  }

  test("approx mode plans no Expand operator (single-pass at 100 TB)") {
    val approx = Profile.table(graft.Tables.lineitem(spark, sf("sf0.001")), "lineitem", exact = false)
    approx.collect()
    val expands = approx.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.ExpandExec => e
    }
    assert(expands.isEmpty, "approx profile should aggregate in one pass without Expand")
  }

  test("null accounting: injected nulls show up in n_nulls and drop from stats") {
    import spark.implicits._
    val df = Seq((1L, Some(2.0)), (2L, None), (3L, Some(6.0))).toDF("id", "v")
    val got = Profile.table(df, "t").collect().map(r => r.getString(1) -> r).toMap
    val v = got("v")
    assert(v.getLong(3) == 3 && v.getLong(4) == 2 && v.getLong(5) == 1 && v.getLong(6) == 2)
    assert(v.getDouble(7) == 2.0 && v.getDouble(8) == 6.0 && v.getDouble(9) == 4.0)
  }
}
