package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7. */
object SparkEntry {

  /** All registered operator queries (name → impl + optional DuckDB oracle). */
  def registry: Map[String, Q] =
    FeatureQueries.all ++ RecursiveQueries.all ++ SignalQueries.all ++
      FundamentalQueries.all ++ AggregateQueries.all ++ LlmQueries.all ++
      EtlQueries.all ++ BacktestQueries.all ++ StreamingBatchQueries.all ++
      MlQueries.all ++ ChartQueries.all ++ RecommendQueries.all ++
      BucketedQueries.all ++ CorpusOpsQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's namesake output end-to-end: bars → windowed + recursive
    * features → all 11 signal strategies, joined back to signal-day bars. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val bars = graft.features.Bars.daily(graft.Tables.events(spark, dir))
    SignalQueries.signals(SignalQueries.features(bars)).join(bars, Seq("symbol_id", "date"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, q) => k -> q.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    *
    * Context-dependent oracles (`Q.oracleGen` — the model-scored queries
    * serialize the session's fitted GBT into the SQL) are resolved against
    * (spark, dir), restricted to `only` when non-empty (a subset dev dump
    * must not trigger a full model fit for queries it didn't run). A
    * generator failure degrades that entry to the driver's rows-only
    * check — LOUDLY (stderr), so lost oracle coverage can't pass as a
    * quietly-green sweep. */
  def oracleSql(spark: SparkSession, dir: String,
                only: Set[String] = Set.empty): Map[String, String] =
    registry.flatMap { case (k, q) =>
      def wanted = only.isEmpty || only(k)
      q.oracle.map(k -> _).orElse(
        if (!wanted) None
        else q.oracleGen.flatMap { g =>
          scala.util.Try(g(spark, dir)) match {
            case scala.util.Success(sql) => Some(k -> sql)
            case scala.util.Failure(e) =>
              System.err.println(s"[oracle-gen] $k FAILED (degrades to rows-only): $e")
              None
          }
        })
    }

  /** Driver-contract form: static oracles always; generated ones when an
    * active session exists AND Verify has published its sfDir via the
    * `graft.sf.dir` property. Without the property the generated entries
    * are OMITTED (rows-only degradation) — generating them against a
    * guessed directory would fit the model on the wrong scale factor and
    * mis-compare every model oracle, which is strictly worse than a weak
    * check. */
  def oracleSql: Map[String, String] = {
    val ctx = for {
      s <- SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      d <- sys.props.get("graft.sf.dir")
    } yield oracleSql(s, d)
    ctx.getOrElse(registry.collect { case (k, Q(_, Some(sql), _)) => k -> sql })
  }
}
