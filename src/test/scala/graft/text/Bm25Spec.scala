package graft.text

import graft.SparkSpec

/** Differential test of the distributed BM25 retrieval against an
  * independent single-node implementation (same dyadic constants, same
  * 10dp-quantize-then-exact-sum), plus structural contracts. */
class Bm25Spec extends SparkSpec {

  private def dec(x: Double, scale: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP)

  /** Single-node reference: top-k (query_id, doc_id, bm25, rank) rows. */
  private def refBm25(docs: Seq[(Long, String)], k: Int): Seq[(Long, Long, Double, Int)] = {
    val toks: Map[Long, Seq[String]] =
      docs.map { case (id, t) => id -> t.trim.split(" ", -1).toSeq }.toMap
    val tf: Map[(Long, String), Long] = toks.toSeq
      .flatMap { case (id, ts) => ts.map(id -> _) }
      .groupBy(identity).map { case (key, g) => key -> g.size.toLong }
    val df: Map[String, Long] = tf.keys.toSeq.map(_._2)
      .groupBy(identity).map { case (t, g) => t -> g.size.toLong }
    val dl: Map[Long, Long] = toks.map { case (id, ts) => id -> ts.size.toLong }
    val nDocs = docs.size.toDouble
    val avgdl = dl.values.sum.toDouble / nDocs
    val out = Seq.newBuilder[(Long, Long, Double, Int)]
    for (q <- docs.map(_._1).filter(_ % 100 == 0).sorted) {
      // MoreLikeThis maxQueryTerms gate: the k most selective terms only
      val qTerms = toks(q).distinct
        .sortBy(t => (df(t), t)).take(Bm25.MaxQueryTerms)
      val scores = scala.collection.mutable.Map.empty[Long, java.math.BigDecimal]
      for (t <- qTerms; ((d, tok), f) <- tf if tok == t && d != q) {
        val idf = math.log((nDocs - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
        val ts = idf * (f * 2.5) / (f + 1.5 * (0.25 + 0.75 * dl(d) / avgdl))
        scores(d) = scores.getOrElse(d, java.math.BigDecimal.ZERO).add(dec(ts, 10))
      }
      scores.toSeq.map { case (d, s) => (d, s.doubleValue()) }
        .sortBy { case (d, s) => (-s, d) }.take(k).zipWithIndex
        .foreach { case ((d, s), i) => out += ((q, d, dec(s, 4).doubleValue(), i + 1)) }
    }
    out.result()
  }

  test("top-10 matches an independent single-node BM25 on sf0.001") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val want = refBm25(docs, 10)
    val got = Bm25.moreLikeThis(spark, sf("sf0.001"), k = 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got.nonEmpty)
    assert(got == want,
      s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
  }

  test("queries never retrieve themselves; ranks contiguous from 1") {
    val got = Bm25.moreLikeThis(spark, sf("sf0.001"), k = 10).collect()
    assert(got.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("doc_id")))
    val byQ = got.groupBy(_.getAs[Long]("query_id"))
    byQ.foreach { case (q, rows) =>
      val ranks = rows.map(_.getAs[Int]("rank")).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"query $q ranks $ranks")
    }
  }
}
