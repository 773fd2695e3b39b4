package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.BucketedTables
import graft.sqlx.Exact
import OracleSql.rd

/** End-to-end bucketed product query: the per-symbol tables the daily run
  * keeps re-joining (features, signals) are written ONCE through
  * [[graft.sources.BucketedTables]] bucketed by symbol_id — the storage
  * layout playing the role of the reference's per-symbol database
  * partitioning (db/postgres_database_manager.py's symbol-keyed tables) —
  * and the symbol-level rollup then reads them back with every aggregation
  * and the join planned WITHOUT a shuffle (asserted by BucketedProductSpec;
  * the only exchange in the registered query is the final presentation
  * sort). At 100 TB this is the difference between re-shuffling the feature
  * table every morning and reading co-located buckets. */
object BucketedQueries {

  /** Write features + signals bucketed by symbol (once per session × dir,
    * guarded by a [[graft.sqlx.Memo]] entry — the point of the layout is
    * write-once/read-many economics, so a repeat call must not re-run the
    * write, the expensive half), read back, roll up per symbol and join —
    * the shuffle-free core (no presentation sort). */
  def symbolStats(s: SparkSession, d: String): DataFrame = {
    val suffix = graft.sqlx.PathTag.of(d)
    val featT = s"graft_feat_sym_$suffix"
    val sigT = s"graft_sig_sym_$suffix"
    // the entry is stored only AFTER both writes succeed, so a transient
    // write failure is retried by the next call instead of poisoning the
    // session (every later call skipping the write and failing the read)
    graft.sqlx.Memo.getOrElseUpdate(graft.sqlx.FrameCache.key(s, "bucketed-write", d)) {
      BucketedTables.write(SignalQueries.signalFeatures(s, d), featT,
        Seq("symbol_id"), numBuckets = 8, sortCols = Seq("symbol_id", "date"))
      BucketedTables.write(
        SignalQueries.allSignals(s, d),
        sigT, Seq("symbol_id"), numBuckets = 8)
    }

    val ft = BucketedTables.read(s, featT)
    val st = BucketedTables.read(s, sigT)
    val fa = ft.groupBy("symbol_id").agg(
      count(lit(1)).as("n_days"),
      Exact.decSumAgg(col("close")).as("sum_close"),
      max(col("volume")).as("max_volume"))
    val sa = st.groupBy("symbol_id").agg(
      sum(when(col("buy_signal"), 1L).otherwise(0L)).as("n_buys"),
      sum(when(col("sell_signal"), 1L).otherwise(0L)).as("n_sells"),
      countDistinct(col("trade_strategy")).as("n_strategies"))
    fa.join(sa, Seq("symbol_id"))
      .select(col("symbol_id"), col("n_days"), col("sum_close"),
        (Exact.r4(col("sum_close") / col("n_days").cast("double"))).as("avg_close"),
        col("max_volume"), col("n_buys"), col("n_sells"), col("n_strategies"))
  }

  private val bucketedSymbolStats = Q(
    (s, d) => symbolStats(s, d).orderBy("symbol_id"),
    s"""${SignalQueries.featCte},
       |sigall AS (
       |  ${SignalQueries.allFlagsSubquery}
       |),
       |fa AS (
       |  SELECT symbol_id, COUNT(*) AS n_days,
       |         CAST(CAST(SUM(CAST(close AS DECIMAL(25,10))) AS VARCHAR) AS DOUBLE) AS sum_close,
       |         MAX(volume) AS max_volume
       |  FROM b GROUP BY symbol_id
       |),
       |sa AS (
       |  SELECT symbol_id,
       |         CAST(SUM(CASE WHEN buy_signal THEN 1 ELSE 0 END) AS BIGINT) AS n_buys,
       |         CAST(SUM(CASE WHEN sell_signal THEN 1 ELSE 0 END) AS BIGINT) AS n_sells,
       |         CAST(COUNT(DISTINCT trade_strategy) AS BIGINT) AS n_strategies
       |  FROM sigall GROUP BY symbol_id
       |)
       |SELECT fa.symbol_id, n_days, sum_close,
       |       ${rd("sum_close / CAST(n_days AS DOUBLE)", "avg_close")},
       |       max_volume, n_buys, n_sells, n_strategies
       |FROM fa JOIN sa ON fa.symbol_id = sa.symbol_id
       |ORDER BY fa.symbol_id""".stripMargin)

  val all: Map[String, Q] = Map(
    "bucketed_symbol_stats" -> bucketedSymbolStats)
}
