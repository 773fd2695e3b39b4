package graft.retrieval

import graft.SparkSpec

/** Hand-computed fixtures for the retrieval metrics: perfect retrieval
  * scores 1.0 across the board, a known partial ranking reproduces the
  * textbook nDCG/MRR values, and rank order matters (same hit SET, worse
  * positions ⇒ strictly lower nDCG — the property recall alone misses). */
class EvalSpec extends SparkSpec {
  import spark.implicits._

  private def ret(rows: (Long, Long, Int)*) = rows.toDF("query_id", "doc_id", "rank")
  private def rel(rows: (Long, Long)*) = rows.toDF("query_id", "doc_id")

  test("perfect retrieval: recall = mrr = ndcg = 1") {
    val m = Eval.metrics(
      ret((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)),
      rel((1L, 10L), (1L, 11L), (1L, 12L)), k = 10).collect().head
    assert(m.getAs[Long]("hits_at_k") == 3)
    assert(m.getAs[Double]("recall_at_k") == 1.0)
    assert(m.getAs[Double]("mrr") == 1.0)
    assert(m.getAs[Double]("ndcg_at_k") == 1.0)
  }

  test("textbook partial ranking: hits at ranks 2 and 4 of 3 relevant") {
    val m = Eval.metrics(
      ret((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), (1L, 13L, 4)),
      rel((1L, 11L), (1L, 13L), (1L, 99L)), k = 10).collect().head
    assert(m.getAs[Long]("n_relevant") == 3)
    assert(m.getAs[Long]("hits_at_k") == 2)
    assert(m.getAs[Double]("mrr") == 0.5) // first hit at rank 2
    // dcg = g(2) + g(4); idcg = g(1) + g(2) + g(3), from the same tables
    val g = Eval.gains(10).toMap
    val want = BigDecimal(g(2)) + BigDecimal(g(4))
    assert(m.getAs[Double]("dcg") == want.toDouble)
    val idcg = (BigDecimal(g(1)) + BigDecimal(g(2)) + BigDecimal(g(3))).toDouble
    assert(m.getAs[Double]("idcg") == idcg)
  }

  test("same hit set at worse ranks scores strictly lower nDCG") {
    val relv = rel((1L, 10L), (1L, 11L))
    val good = Eval.metrics(ret((1L, 10L, 1), (1L, 11L, 2), (1L, 50L, 3)), relv, 10)
      .collect().head.getAs[Double]("ndcg_at_k")
    val bad = Eval.metrics(ret((1L, 50L, 1), (1L, 10L, 2), (1L, 11L, 3)), relv, 10)
      .collect().head.getAs[Double]("ndcg_at_k")
    assert(good == 1.0 && bad < good, s"ndcg must penalize position: good=$good bad=$bad")
  }

  test("a query with zero hits scores 0 but keeps its relevance accounting") {
    val m = Eval.metrics(
      ret((1L, 50L, 1), (1L, 51L, 2)),
      rel((1L, 10L), (1L, 11L)), k = 10).collect().head
    assert(m.getAs[Long]("hits_at_k") == 0)
    assert(m.getAs[Double]("recall_at_k") == 0.0)
    assert(m.getAs[Double]("mrr") == 0.0)
    assert(m.getAs[Double]("ndcg_at_k") == 0.0)
    assert(m.getAs[Long]("n_relevant") == 2)
  }
}
