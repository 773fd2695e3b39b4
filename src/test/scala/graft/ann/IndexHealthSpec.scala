package graft.ann

import graft.SparkSpec
import graft.sources.CellStore

/** The drift monitor actually DETECTS drift: a distribution-shifted
  * increment must push mse_increment well past mse_base (the documented
  * ≈2× refit trigger) and pile into few cells, while a same-distribution
  * increment reads healthy — the two signals the "drift ⇒ refit+rebuild"
  * decision fires on. (Cross-engine exactness of the report is the
  * registered ann_index_health oracle; this spec pins that the numbers
  * MEAN something.) */
class IndexHealthSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16

  private def vecs(n: Int, seed: Int, shift: Double, idBase: Long) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (idBase + i, Array.fill(dim)(rnd.nextGaussian() + shift).toSeq)
    }.toDF("vec_id", "emb")
  }

  private def weightedRatio(health: Seq[(Long, Long, Option[Double], Option[Double])]): Double = {
    val inc = health.collect { case (_, nInc, _, Some(m)) if nInc > 0 => nInc * m }.sum
    val nInc = health.map(_._2).sum
    val base = health.collect { case (n, nI, Some(m), _) if n - nI > 0 => (n - nI) * m }.sum
    val nBase = health.map(h => h._1 - h._2).sum
    (inc / nInc) / (base / nBase)
  }

  private def healthOf(path: String, all: org.apache.spark.sql.DataFrame,
                       inc: org.apache.spark.sql.DataFrame) =
    IvfPq.indexHealth(spark, path, all, inc.select("vec_id"), dim)
      .collect().map(r => (r.getLong(1), r.getLong(2),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)))).toSeq

  test("a distribution-shifted increment trips the refit signals; an in-distribution one does not") {
    val base = vecs(2000, seed = 7, shift = 0.0, idBase = 0L)
    val healthy = vecs(200, seed = 11, shift = 0.0, idBase = 100000L)
    val drifted = vecs(200, seed = 13, shift = 8.0, idBase = 200000L)

    // control: same-distribution increment reads healthy
    val okPath = s"${sys.props("java.io.tmpdir")}/graft-health-ok"
    IvfPq.writeIndex(base, okPath, dim = dim, nCells = 8)
    IvfPq.appendToIndex(spark, okPath, healthy, incrementId = 1L)
    val okRatio = weightedRatio(healthOf(okPath, base.unionByName(healthy), healthy))
    assert(okRatio < 1.5, s"in-distribution increment misread as drift: ratio $okRatio")

    // drift: the shifted increment's reconstruction error explodes and
    // its rows pile into few cells
    val drPath = s"${sys.props("java.io.tmpdir")}/graft-health-drift"
    IvfPq.writeIndex(base, drPath, dim = dim, nCells = 8)
    IvfPq.appendToIndex(spark, drPath, drifted, incrementId = 1L)
    val rows = healthOf(drPath, base.unionByName(drifted), drifted)
    val drRatio = weightedRatio(rows)
    assert(drRatio >= 2.0, s"shifted increment must trip the >=2x mse trigger: ratio $drRatio")
    val topCellShare = rows.map(_._2).max.toDouble / rows.map(_._2).sum
    assert(topCellShare >= 0.5,
      s"a point-mass shift should concentrate in few cells: top share $topCellShare")
  }

  test("refitIfDrifted: pulls the rebuild lever on drift, leaves a healthy store untouched") {
    val base = vecs(2000, seed = 7, shift = 0.0, idBase = 0L)
    val healthy = vecs(200, seed = 11, shift = 0.0, idBase = 100000L)
    val drifted = vecs(200, seed = 13, shift = 8.0, idBase = 200000L)
    def codes(path: String) = CellStore.read(spark, path, CellStore.head(spark, path))
      .collect().map(_.toSeq.map { case s: Seq[_] => s.toList; case v => v }).toSet

    val okPath = s"${sys.props("java.io.tmpdir")}/graft-refit-ok"
    IvfPq.writeIndex(base, okPath, dim = dim, nCells = 8)
    IvfPq.appendToIndex(spark, okPath, healthy, incrementId = 1L)
    val before = codes(okPath)
    assert(!IvfPq.refitIfDrifted(spark, okPath, base.unionByName(healthy),
      healthy.select("vec_id"), dim))
    assert(codes(okPath) == before, "a healthy store must not be rebuilt")
    // the applied id still guards the ingest stream: its replay stays a no-op
    assert(!IvfPq.appendToIndex(spark, okPath, healthy, incrementId = 1L))

    val drPath = s"${sys.props("java.io.tmpdir")}/graft-refit-drift"
    IvfPq.writeIndex(base, drPath, dim = dim, nCells = 8)
    IvfPq.appendToIndex(spark, drPath, drifted, incrementId = 1L)
    val corpus = base.unionByName(drifted)
    val ratioBefore = weightedRatio(healthOf(drPath, corpus, drifted))
    assert(IvfPq.refitIfDrifted(spark, drPath, corpus, drifted.select("vec_id"), dim))
    // the refit store IS the fresh full build (same fit, same codes)...
    val fullPath = s"${sys.props("java.io.tmpdir")}/graft-refit-full"
    IvfPq.writeIndex(corpus, fullPath, dim = dim, nCells = 8)
    assert(codes(drPath) == codes(fullPath), "refit must equal a clean full rebuild")
    // ...with the high-water mark CARRIED OVER: the refit corpus already
    // contains increment 1, so its streaming replay stays a no-op instead
    // of double-appending onto the rebuilt store
    assert(CellStore.head(spark, drPath).applied == 1L)
    assert(!IvfPq.appendToIndex(spark, drPath, drifted, incrementId = 1L))
    // and the refit codebooks now RESOLVE the drifted region: the
    // increment's relative reconstruction error drops sharply (a 9%
    // far-away cluster still quantizes coarser than the bulk, so
    // "fully healthy" is not the contract — "much better" is)
    val ratioAfter = weightedRatio(healthOf(drPath, corpus, drifted))
    assert(ratioAfter < ratioBefore / 2,
      s"refit should halve the drift ratio: $ratioBefore -> $ratioAfter")
  }
}
