package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** A closed-loop pipeline workload: an iteration is a fixed sequence of
  * calls into the library's public entry points, each forced by writing its
  * output. Before every iteration but the first, derived state is reset
  * outside the timer (session stores vacuumed, memos and cached frames
  * dropped, a fresh session so session-keyed fits are rebuilt), so no
  * timed iteration is served from memos. */
abstract class Pipeline(dir: String, runDir: String) extends Workload {
  /** (layer, call name, call) in pipeline order. */
  def steps: Seq[(String, String, SparkSession => DataFrame)]

  /** A registered query of [[SparkEntry]]. */
  def q(layer: String, name: String): (String, String, SparkSession => DataFrame) =
    (layer, name, s => SparkEntry.queries(name)(s, dir))

  protected var firstDigests: Seq[(String, String)] = Nil
  private var oracleSql: Map[String, String] = Map.empty

  /** One timed iteration: every call's output is written (the pipeline
    * publishes each stage) to `out/<name>`. */
  def iteration(spark: SparkSession, out: String): Unit =
    steps.foreach { case (layer, name, f) =>
      Trace.span(layer, name)(f(spark).write.parquet(s"$out/$name"))
    }

  /** Digests of an iteration's outputs, read back outside the timer. */
  def digests(spark: SparkSession, out: String): Seq[(String, String)] =
    steps.map { case (_, name, _) => name -> Main.digest(spark.read.parquet(s"$out/$name")) }

  /** A fresh session; stream listeners are per session. */
  private def session(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.streams.addListener(Trace.StreamListener)
    s
  }

  def run(spark: SparkSession, seconds: Double): Map[String, Any] = {
    val first = session(spark)
    Trace.iteration = 0
    val t0 = System.nanoTime()
    iteration(first, s"$runDir/oracle")
    val firstS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    firstDigests = digests(first, s"$runDir/oracle")
    // generated oracles resolve against the first iteration's session, so
    // they describe the state that produced the dumped output
    oracleSql = SparkEntry.oracleSql(first, dir, steps.map(_._2).toSet)
      .filter(kv => steps.exists(_._2 == kv._1))
    val firstChecksS = (System.nanoTime() - t1) / 1e9
    val warm = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Boolean]
    var failed = 0
    val storeWrites = mutable.LinkedHashMap.empty[Int, (Long, Double)]
    val gc0 = Main.gcSeconds()
    val start = System.nanoTime()
    val tracing = Trace.enabled
    // at least one warm iteration, two when tracing (one of each kind)
    while (warm.size < (if (tracing) 2 else 1) ||
           (System.nanoTime() - start) / 1e9 < seconds) {
      // reset derived state outside the timer: no timed iteration is
      // served from a memo, a cached frame, a staged store or a fit
      graft.sqlx.FrameCache.clearSessionStores()
      Main.deleteTree(s"$runDir/iter")
      val s = session(spark)
      Trace.iteration = warm.size + 1
      // a traced run alternates untraced and traced iterations, so the
      // difference of the two medians is the tracing overhead
      Trace.enabled = tracing && warm.size % 2 == 1
      val ti = System.nanoTime()
      iteration(s, s"$runDir/iter")
      warm += (System.nanoTime() - ti) / 1e9
      traced += Trace.enabled
      if (Trace.enabled) storeWrites += (warm.size -> Main.storeFiles())
      Trace.enabled = false
      val d = digests(s, s"$runDir/iter")
      if (d != firstDigests) {
        failed += 1
        System.err.println(s"iteration ${warm.size}: outputs differ from the first: " +
          d.zip(firstDigests).filter(p => p._1 != p._2).take(3))
      }
    }
    Trace.enabled = tracing
    Map("first_s" -> firstS, "first_checks_s" -> firstChecksS,
      "warm_samples" -> warm.toSeq, "warm_traced" -> traced.toSeq,
      "warm_phase_s" -> (System.nanoTime() - start) / 1e9,
      "warm_gc_s" -> (Main.gcSeconds() - gc0),
      "attempted" -> (warm.size + 1), "failed" -> failed,
      "store_writes" -> storeWrites.map { case (i, (n, mb)) => i.toString -> Seq(n, mb) },
      "digests" -> firstDigests.toMap)
  }

  /** Writes the oracle SQL of every oracle-backed call beside its dumped
    * first-iteration output, for `run.py` to replay in DuckDB. */
  def checks(spark: SparkSession): Map[String, Any] = {
    java.nio.file.Files.write(java.nio.file.Paths.get(runDir, "oracle", "oracle_sql.json"),
      Json.value(oracleSql).getBytes("UTF-8"))
    extraChecks(spark.newSession()) ++ Map("oracle_queries" -> oracleSql.keys.toSeq.sorted)
  }

  def extraChecks(spark: SparkSession): Map[String, Any] = Map.empty
}

/** The reference's nightly run, cut to what one run can afford: bars →
  * windowed and recursive features → all 11 strategies; fundamentals and
  * quality scores; backtest trades and per-strategy metrics; as-of fundamentals
  * enrichment; the model's training frame; quality-gated, ranked daily
  * recommendations. The GBT fit is left out (see README.md). */
final class Research(dir: String, runDir: String) extends Pipeline(dir, runDir) {
  val steps: Seq[(String, String, SparkSession => DataFrame)] = Seq(
    ("features", "signal_features", s => graft.queries.SignalQueries.signalFeatures(s, dir)),
    ("signals", "all_signals", s => graft.queries.SignalQueries.allSignals(s, dir)),
    q("fundamentals", "fund_quality_scores"),
    q("backtest", "backtest_trades"),
    // the layer's metrics function itself: the registered backtest_metrics
    // disagrees with its DuckDB oracle on 4-dp rounding ties (README.md)
    ("backtest", "strategy_metrics", s => graft.backtest.Metrics.perStrategy(
      graft.queries.BacktestQueries.simulatedTrades(s, dir))),
    q("operators", "asof_join_union"),
    q("ml", "ml_training_frame"),
    q("queries", "daily_recommendations"))

  override def extraChecks(spark: SparkSession): Map[String, Any] = {
    // every strategy must trade on the generated history
    import org.apache.spark.sql.functions.col
    val traded = spark.read.parquet(s"$runDir/oracle/all_signals")
      .where(col("buy_signal")).select("trade_strategy").distinct().count()
    Map("strategies_trading" -> traded)
  }
}

/** The LLM-data path, cut to what one run can afford: documents clean
  * (normalization and exact dedup) → quality → MinHash near-dup dedup →
  * fuzzy benchmark decontamination; embeddings → IVF-PQ index build and
  * probe; then the store layers' registered witnesses over the same input
  * directory: a CAS commit chain, an incremental materialized-view
  * refresh and a file-source stream. */
final class CorpusCuration(dir: String, runDir: String) extends Pipeline(dir, runDir) {
  val steps: Seq[(String, String, SparkSession => DataFrame)] = Seq(
    q("text", "corpus_clean"), q("text", "text_quality"),
    q("dedup", "dedup_minhash"), q("text", "decontaminate_fuzzy"),
    q("ann", "ann_ivfpq"), q("sources", "store_commit_chain"),
    q("etl", "mv_incremental_refresh"), q("streaming", "stream_file_source"))

  override def extraChecks(spark: SparkSession): Map[String, Any] =
    if (!Trace.enabled) Map.empty
    else Map("dedup.candidate_pairs" ->
      graft.dedup.MinHashLSH.candidates(graft.Tables.documents(spark, dir)).count())
}
