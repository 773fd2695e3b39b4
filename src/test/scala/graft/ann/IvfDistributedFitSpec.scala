package graft.ann

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The coarse-quantizer graduation (IvfIndex.fitDistributed): past
  * IvfIndex.DriverFitMaxCells the fit runs Lloyd's as Spark jobs over the
  * sample kept as a DataFrame — nothing sample-sized is ever collected,
  * only k·d centroid aggregates per iteration — so SemDeDup's
  * nCells ≈ n/128 rule survives past the ~10³-cell driver fit. This spec
  * fits 10⁴ cells (the scale the round-9 verdict named as the driver
  * fit's cliff) and pins the properties that make the path trustworthy:
  * exact cell count, bit-for-bit determinism across runs (decimal exact
  * sums — shuffle order cannot perturb the centroids), and Lloyd's cost
  * improvement over its own init.
  */
class IvfDistributedFitSpec extends SparkSpec {

  private val N = 20000
  private val K = 10000
  private val Dim = 8

  /** Seeded sample (vec_id, emb) as a DataFrame — the shape assign()'s
    * content-hash stride produces. */
  private lazy val sample = {
    val rnd = new scala.util.Random(20260814L)
    val rows = (0 until N).map(i => (i.toLong, Seq.fill(Dim)(rnd.nextGaussian())))
    spark.createDataFrame(rows).toDF("vec_id", "emb")
      .repartition(4).cache()
  }

  /** Mean squared distance of each sample point to its nearest centroid,
    * computed distributed (the fit's own objective). */
  private def cost(cents: Array[Array[Double]]): Double = {
    val bc = spark.sparkContext.broadcast(cents)
    val d2 = udf { (emb: Seq[Double]) =>
      val x = emb.toArray
      var best = Double.MaxValue
      var c = 0
      while (c < bc.value.length) {
        val ce = bc.value(c)
        var d = 0.0
        var i = 0
        while (i < ce.length) { val df = x(i) - ce(i); d += df * df; i += 1 }
        if (d < best) best = d
        c += 1
      }
      best
    }
    val out = sample.select(avg(d2(col("emb")))).head.getDouble(0)
    bc.destroy()
    out
  }

  test("fits 10^4 cells without collecting the sample; exact cell count") {
    val cents = IvfIndex.fitDistributed(sample, K, seed = 7L, iters = 2)
    assert(cents.length === K)
    assert(cents.forall(c => c.length === Dim && c.forall(v => !v.isNaN && !v.isInfinite)))
    // distinct init rows (hash-ordered limit k of a 2k-point sample) =>
    // centroids are not degenerate copies of one point
    assert(cents.map(_.toSeq).distinct.length > K / 2)
  }

  test("deterministic: two fits produce bit-identical centroids") {
    val a = IvfIndex.fitDistributed(sample, K, seed = 7L, iters = 2)
    val b = IvfIndex.fitDistributed(sample, K, seed = 7L, iters = 2)
    assert(a.length === b.length)
    a.indices.foreach(i => assert(a(i).toSeq === b(i).toSeq))
  }

  test("Lloyd's improves on its init at 10^4 cells") {
    val init = IvfIndex.fitDistributed(sample, K, seed = 7L, iters = 0)
    val fit = IvfIndex.fitDistributed(sample, K, seed = 7L, iters = 2)
    assert(cost(fit) < 0.9 * cost(init))
  }

  test("driver and distributed fits are bit-identical (decimal-exact means, md5 init)") {
    val k = 32
    val local = sample.select("vec_id", "emb")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val drv = IvfIndex.lloydExact(local, k, seed = 42L, iters = 3)
    val dst = IvfIndex.fitDistributed(sample, k, seed = 42L, iters = 3)
    assert(drv.length === dst.length)
    drv.indices.foreach(i => assert(drv(i).toSeq === dst(i).toSeq, s"centroid $i drifted"))
  }

  test("assign dispatches to the distributed fit and partitions the corpus") {
    // force the distributed path at a small k via the dispatch knob — the
    // same code that runs at 10^4 cells, observable end-to-end
    val (assigned, cents) = IvfIndex.assign(
      sample, nCells = 16, driverFitMaxCells = 0)
    assert(cents.count() === 16L)
    val cellStats = assigned.groupBy("cell").count()
    assert(cellStats.agg(sum("count")).head.getLong(0) === N.toLong)
    assert(cellStats.count() > 8L) // points actually spread over cells
  }
}
