package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Library entry point for `spark.sql.extensions`
  * (`--conf spark.sql.extensions=graft.GraftExtensions`): injects graft's
  * native Catalyst functions into every session built with the config, so
  * plain SQL text — notebooks, spark-sql, thrift — can call them without
  * touching the Scala API:
  *
  *   - `graft_dot(array<double>, array<double>)` — codegen dot product
  *     ([[graft.functions.DotProduct]], the ANN hot loop)
  *   - `graft_simhash64(array<string>)` — 64-bit SimHash fingerprint
  *     ([[graft.functions.SimHash64]])
  *   - `graft_minhash_sig(array<string>)` — 128-value MinHash signature
  *     with the library's fixed LSH permutation constants
  *     ([[graft.functions.MinHashSig]] / [[graft.dedup.MinHashLSH]]), so
  *     SQL-side signatures join against DataFrame-side band buckets
  *
  * This is the only place a graft function is declared by name. The
  * Scala API never looks one up: each companion's Column method builds its
  * expression directly (`org.apache.spark.sql.GraftColumn`), so no session
  * registry is touched per call and the extension is purely additive — the
  * injection path is what a cluster-wide deployment configures once.
  */
object GraftExtensions {
  @volatile private var cached: org.apache.spark.sql.SparkSession = _

  /** A session on `base`'s SparkContext built THROUGH the extensions
    * injection path — what `--conf spark.sql.extensions=graft.GraftExtensions`
    * yields cluster-wide. Memoized per context (the registered
    * sql_extensions_simhash query routes every Verify/Bench invocation
    * here; one extra sessionState per JVM, not per call). getOrCreate only
    * honors withExtensions when no default session claims the builder, so
    * the default/active slots are cleared and restored around the build —
    * a process-global mutation: another thread calling
    * SparkSession.builder().getOrCreate() inside this (one-per-JVM,
    * milliseconds-wide) window would mint a stray session. The library's
    * own entry points (Verify/Bench/the registered queries) build sessions
    * single-threaded before any query runs, which is the assumption this
    * trades on; a host embedding graft in a multi-threaded session factory
    * should call sessionFor once at startup. */
  def sessionFor(base: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    synchronized {
      if (cached == null || cached.sparkContext != base.sparkContext) {
        val act = org.apache.spark.sql.SparkSession.getActiveSession
        val dft = org.apache.spark.sql.SparkSession.getDefaultSession
        org.apache.spark.sql.SparkSession.clearActiveSession()
        org.apache.spark.sql.SparkSession.clearDefaultSession()
        try cached = org.apache.spark.sql.SparkSession.builder()
          .withExtensions(new GraftExtensions).getOrCreate()
        finally {
          dft.foreach(org.apache.spark.sql.SparkSession.setDefaultSession)
          act.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
        }
      }
      cached
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def arity(name: String, n: Int, exprs: Seq[Expression]): Unit =
      if (exprs.length != n)
        throw new IllegalArgumentException(
          s"$name expects $n argument(s), got ${exprs.length}")
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[graft.functions.DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => {
        arity("graft_dot", 2, exprs)
        graft.functions.DotProduct(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[graft.functions.SimHash64].getName, "graft_simhash64"),
      (exprs: Seq[Expression]) => {
        arity("graft_simhash64", 1, exprs)
        graft.functions.SimHash64(exprs.head)
      }))
    val (a, b) = (graft.dedup.MinHashLSH.params.map(_._1), graft.dedup.MinHashLSH.params.map(_._2))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[graft.functions.MinHashSig].getName, "graft_minhash_sig"),
      (exprs: Seq[Expression]) => {
        arity("graft_minhash_sig", 1, exprs)
        graft.functions.MinHashSig(exprs.head, a, b, graft.dedup.MinHashLSH.Prime)
      }))
  }
}
