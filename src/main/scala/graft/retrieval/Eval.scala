package graft.retrieval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sqlx.Exact

/** Retrieval-quality evaluation — recall@k, MRR and nDCG@k of a retrieved
  * top-k list against a relevance set: the measurement half every
  * retrieval stack ships with (a pipeline that can BM25/ANN/fuse but not
  * score itself cannot be tuned). One metrics row per query.
  *
  * Exactness across engines, the graft doctrine applied to ranking math:
  * the DCG gain 1/log2(rank+1) and the ideal-DCG prefix sums are
  * data-independent CONSTANTS of (k), so both the Spark side and the
  * DuckDB oracle consume the SAME Scala-computed, 10-dp-quantized literal
  * tables ([[gainTable]] / [[idcgTable]] vs the generated SQL VALUES) —
  * no engine ever evaluates a logarithm at compare time, which removes
  * the 1-ulp libm-vs-JVM hazard entirely. Per-query DCG is a
  * DECIMAL(25,10) sum of those quantized gains (order-free), recall and
  * MRR are single correctly-rounded IEEE divisions.
  *
  * Scale shape: the retrieved list is |queries|·k rows (metadata-sized
  * relative to any corpus), the relevance join is query-keyed, and the
  * constant tables broadcast — nothing here touches corpus-sized data. */
object Eval {

  /** 10-dp-quantized DCG gain per rank 1..k. */
  def gains(k: Int): Seq[(Int, Double)] =
    (1 to k).map(r => r ->
      BigDecimal(1.0 / (math.log(r + 1.0) / math.log(2.0)))
        .setScale(10, BigDecimal.RoundingMode.HALF_EVEN).toDouble)

  /** Ideal DCG for m relevant docs (m = 1..k): prefix decimal sums of
    * [[gains]] — exact by construction. */
  def idcgs(k: Int): Seq[(Int, Double)] = {
    val g = gains(k).map { case (_, v) => BigDecimal(v) }
    (1 to k).map(m => m -> g.take(m).sum.toDouble)
  }

  private def gainTable(spark: org.apache.spark.sql.SparkSession, k: Int): DataFrame = {
    import spark.implicits._
    gains(k).toDF("rank", "g10")
  }
  private def idcgTable(spark: org.apache.spark.sql.SparkSession, k: Int): DataFrame = {
    import spark.implicits._
    idcgs(k).toDF("m", "idcg")
  }

  /** Per-query metrics of `retrieved` (query_id, doc_id, rank — rank ≤ k)
    * against `relevant` (query_id, doc_id). Output: one row per query
    * WITH at least one relevant doc (a query nothing is relevant to has
    * no defined recall/nDCG): (query_id, n_relevant, hits_at_k,
    * recall_at_k, mrr, dcg, idcg, ndcg_at_k). */
  def metrics(retrieved: DataFrame, relevant: DataFrame, k: Int): DataFrame = {
    val spark = retrieved.sparkSession
    val relc = relevant.groupBy("query_id")
      .agg(count(lit(1)).as("n_relevant"))
    val hits = retrieved.where(col("rank") <= k)
      .join(relevant, Seq("query_id", "doc_id"))
      .join(broadcast(gainTable(spark, k)), Seq("rank"))
    val hq = hits.groupBy("query_id").agg(
      count(lit(1)).as("hits_at_k"),
      min(col("rank")).as("min_rank"),
      Exact.decSumAgg(col("g10")).as("dcg"))
    relc.join(hq, Seq("query_id"), "left")
      .join(broadcast(idcgTable(spark, k)),
        least(col("n_relevant"), lit(k)) === col("m"))
      .select(
        col("query_id"),
        col("n_relevant"),
        coalesce(col("hits_at_k"), lit(0L)).as("hits_at_k"),
        Exact.r4(coalesce(col("hits_at_k"), lit(0L)).cast("double") /
          col("n_relevant").cast("double")).as("recall_at_k"),
        when(col("min_rank").isNotNull, lit(1.0) / col("min_rank").cast("double"))
          .otherwise(lit(0.0)).as("mrr"),
        coalesce(col("dcg"), lit(0.0)).as("dcg"),
        col("idcg"),
        Exact.r4(coalesce(col("dcg"), lit(0.0)) / col("idcg")).as("ndcg_at_k"))
  }

  /** The constant tables as SQL VALUES — the oracle consumes the SAME
    * Scala-computed literals the Spark side broadcasts. */
  def gainValuesSql(k: Int): String =
    gains(k).map { case (r, v) => s"($r, ${Exact.lit17(v)})" }.mkString(", ")
  def idcgValuesSql(k: Int): String =
    idcgs(k).map { case (m, v) => s"($m, ${Exact.lit17(v)})" }.mkString(", ")
}
