package graft.fundamentals

import graft.SparkSpec

/** Unit contract of the distributed interpolated quantile behind the FCF
  * bounds: numpy-default interpolation on a known fixture, stability under
  * repartitioning, and the all-null edge (bounds must come back null, not
  * crash — the score pipeline then null-propagates cf_generation). */
class QuantileSpec extends SparkSpec {
  import spark.implicits._

  test("interpolated quantile bounds match the numpy default on 1..10") {
    val df = (1 to 10).map(_.toDouble).toDF("fcf_free_cash_flow")
    val out = QualityScores.withFcfBounds(df)
      .select("fcf_q20", "fcf_q80").distinct().collect()
    assert(out.length == 1)
    assert(math.abs(out(0).getDouble(0) - 2.8) < 1e-12, s"q20=${out(0).getDouble(0)}")
    assert(math.abs(out(0).getDouble(1) - 8.2) < 1e-12, s"q80=${out(0).getDouble(1)}")
  }

  test("quantile bounds are invariant to input partitioning") {
    val vals = Seq(5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 2.5, 7.5)
    val one = QualityScores.withFcfBounds(
        vals.toDF("fcf_free_cash_flow").repartition(1))
      .select("fcf_q20", "fcf_q80").head()
    val many = QualityScores.withFcfBounds(
        vals.toDF("fcf_free_cash_flow").repartition(7))
      .select("fcf_q20", "fcf_q80").head()
    assert(one.getDouble(0) == many.getDouble(0) && one.getDouble(1) == many.getDouble(1))
  }

  test("all-null fcf column yields null bounds (no crash, no zero-default)") {
    val df = Seq[Option[Double]](None, None, None).toDF("fcf_free_cash_flow")
    val out = QualityScores.withFcfBounds(df).select("fcf_q20", "fcf_q80").head()
    assert(out.isNullAt(0) && out.isNullAt(1))
  }
}
