package graft.ann

import graft.SparkSpec

/** The IVF selling point (IvfIndex.scala header): on CLUSTERED data —
  * the shape of real embedding corpora — probing nProbe ≪ nCells cells
  * recovers near-perfect recall while scanning only nProbe/nCells of the
  * index. The registered `ann_ivf` runs on the driver's isotropic-gaussian
  * testdata (IVF's worst case, hence its nProbe = nCells/2 default); this
  * spec generates a seeded gaussian-mixture corpus and demonstrates the
  * claim: recall@10 ≥ 0.9 with nProbe = 4 of nCells = 32 (a 8× scan
  * reduction vs probing every cell).
  */
class IvfClusteredRecallSpec extends SparkSpec {
  import spark.implicits._

  private val NClusters = 32
  private val Dim = 16
  private val PerCluster = 120
  private val K = 10

  /** Seeded gaussian mixture: cluster centers ~ N(0,1)^Dim scaled to unit
    * norm × 10; members = center + N(0, 0.3) noise. Directionally tight
    * clusters, so cosine neighbours are in-cluster. */
  private lazy val corpus: Array[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(20260813L)
    def gaussianVec(n: Int): Array[Double] = Array.fill(n)(rnd.nextGaussian())
    val centers = Array.fill(NClusters) {
      val g = gaussianVec(Dim)
      val n = math.sqrt(g.map(x => x * x).sum)
      g.map(_ / n * 10.0)
    }
    (0 until NClusters).flatMap { c =>
      (0 until PerCluster).map { j =>
        val id = (c * PerCluster + j).toLong
        id -> centers(c).zip(gaussianVec(Dim)).map { case (x, e) => x + 0.3 * e }
      }
    }.toArray
  }

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  test("gaussian-mixture corpus: recall@10 >= 0.9 with nProbe 4 of 32 cells") {
    val queries = corpus.filter(_._1 % 100 == 0) // ~38 queries across clusters
    // driver-side exact baseline (small fixture; ranking mirrors IvfIndex:
    // cosine rounded to 6dp desc, ties by vec_id)
    val exact: Map[Long, Set[Long]] = queries.map { case (qid, q) =>
      qid -> corpus.filter(_._1 != qid)
        .map { case (id, v) => (id, BigDecimal(cos(q, v)).setScale(6, BigDecimal.RoundingMode.HALF_UP)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(K).map(_._1).toSet
    }.toMap

    val vecs = corpus.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "emb")
    val qdf = queries.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("query_id", "qemb")
    val got = IvfIndex.approxTopK(vecs, qdf, k = K, nCells = NClusters, nProbe = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    val hits = exact.toSeq.map { case (qid, want) =>
      (want intersect got.getOrElse(qid, Set.empty)).size
    }.sum
    val recall = hits.toDouble / (exact.size * K)
    assert(recall >= 0.9, s"clustered recall@10 = $recall with nProbe=4/$NClusters")
  }
}
