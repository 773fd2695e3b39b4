package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column table profiling — the ANALYZE/data-audit step a pipeline runs
  * before training or migration: row count, null count, distinct count,
  * min/max and mean per column. All non-distinct stats come from a single
  * aggregation over all columns' stat expressions; the one result row is
  * then unpivoted driver-side into per-column rows (the unpivot touches
  * metadata, never data).
  *
  * Distinct counts: `exact = true` is AUDIT-ONLY — it counts every
  * column's distinct values exactly and exists to anchor the approx twin's
  * error bound at test SF; at 100 TB run `exact = false`
  * (`table_profile_approx`), the single-scan KMV sketch path. The audit
  * mode caches the table once and submits one NATIVE `COUNT(DISTINCT c)`
  * job per column CONCURRENTLY over the shared cache: each job is a plain
  * two-stage hash aggregate over one cached column — typed values, no
  * string casts, map-side partial dedup so the shuffle carries only that
  * column's distinct values — and the concurrent submission keeps all
  * cores busy even when the cached scan has few splits (the round-16
  * shape, a rows×cols string melt feeding a global distinct, put the
  * 11×N string-cast explode on the scan's task count — the single most
  * load-sensitive query on every loaded driver bench; the one-aggregation
  * multi-COUNT(DISTINCT) alternative was measured 6× slower still, via
  * Spark's Expand). Exact mode therefore costs one source scan (cache
  * build) + metadata-cheap cached passes; `exact = false` keeps one
  * uncached scan with a KMV bottom-k sketch per column
  * (graft.functions.Kmv, k=2048,
  * rsd ≈ 2.2%) — same one-pass mergeable posture as the HLL++ it replaced,
  * but deterministic md5 arithmetic, so the whole approx profile is
  * hash-checked against a DuckDB replay ([[kmvDistinctSql]]) instead of
  * bounds-checked; ProfileSpec still bounds the deviation vs exact within
  * 5% on every profiled table and scale factor. The sketch hashes a
  * CANONICAL string per type class ([[canonical]]/[[canonicalSql]]) —
  * engine-portable by construction: integers/NTZ-timestamps cast to
  * identical strings, doubles pin a DECIMAL(28,6) rendering (raw
  * double→string formatting differs between engines), instant timestamps
  * go through epoch micros.
  *
  * Min/max keep native types per column class (numeric → double,
  * string → string, date/timestamp → date) rather than stringifying
  * everything: cross-engine float formatting is not canonical, typed values
  * are. The mean goes through DECIMAL(25,10) (graft.sqlx.Exact) so the
  * double is bit-identical to the DuckDB oracle after ROUND 4.
  */
object Profile {

  /** Engine-portable canonical string for KMV hashing, per type class.
    * Must stay the byte-identical mirror of [[canonicalSql]]. Doubles add
    * 0.0 first (−0.0 → 0.0, same IEEE op both sides) then pin a
    * DECIMAL(28,6) rendering; TIMESTAMP (instant) canonicalizes through
    * epoch micros (string fraction-trimming differs between engines);
    * TIMESTAMP_NTZ/DATE cast to identical ISO strings. */
  def canonical(c: Column, dt: DataType): Column = dt match {
    case StringType => c
    case FloatType | DoubleType =>
      (c + lit(0.0)).cast(DecimalType(28, 6)).cast("string")
    case TimestampType => unix_micros(c).cast("string")
    case _ => c.cast("string")
  }

  /** DuckDB mirror of [[canonical]]. */
  def canonicalSql(c: String, dt: String): String = dt match {
    case "string" => c
    case "float" | "double" => s"CAST(CAST($c + 0.0 AS DECIMAL(28,6)) AS VARCHAR)"
    case "timestamp" => s"CAST(epoch_us($c) AS VARCHAR)"
    case _ => s"CAST($c AS VARCHAR)"
  }

  /** Per-column KMV distinct-estimate replay for the approx-profile oracle:
    * a scalar subquery ranking the column's distinct 52-bit hashes. */
  def kmvDistinctSql(table: String, c: String, dt: String, k: Int = graft.functions.Kmv.K): String =
    s"""(SELECT ${graft.functions.Kmv.estimateSql(k).replace("\n", " ")}
       |   FROM (SELECT hv, row_number() OVER (ORDER BY hv) AS rn, COUNT(*) OVER () AS nd
       |         FROM (SELECT DISTINCT ${graft.functions.Kmv.hashSql(canonicalSql(c, dt))} AS hv
       |               FROM $table WHERE $c IS NOT NULL)))""".stripMargin

  def table(df: DataFrame, tableName: String, exact: Boolean = true): DataFrame = {
    val fields = df.schema.fields.toSeq
    // approx mode: the canonical-string build + md5 run as a codegen'd
    // PROJECTION (graft_hash52) feeding the aggregate — and that pass is
    // CPU-bound (11 md5s per row), so when the scan yields fewer splits
    // than 2× cores (a single test-SF parquet file ⇒ the whole sketch
    // pass serializes on one task — measured 2.1 s of md5 on one core at
    // sf0.1) it is repartitioned to 2× cores: exactly `cores` equal
    // tasks are the worst shape under co-tenant CPU steal (one stolen
    // core doubles the pass — the round-15 driver host read 5.4× its
    // floor at loadavg 12 while a quiet host read 1.1×), while 2× gives
    // the scheduler slack to rebalance around a slow core at a
    // negligible shuffle cost for a pass this small. Conditional on
    // purpose: at production scale the input splits already exceed the
    // threshold and the shuffle would be a pure pessimization.
    val src =
      if (exact) df
      else {
        val cores = df.sparkSession.sparkContext.defaultParallelism
        val splits = df.queryExecution.toRdd.getNumPartitions
        val wide = if (splits < 2 * cores) df.repartition(2 * cores) else df
        wide.select(col("*") +: fields.map { f =>
          graft.functions.Kmv.hash52Col(canonical(col(f.name), f.dataType))
            .as(s"__h52_${f.name}")
        }: _*)
      }
    // exact: one shared cache, one native COUNT(DISTINCT) job per column,
    // submitted concurrently (Spark's scheduler interleaves them; results
    // are 11 longs collected driver-side — metadata, independent of table
    // size). + 0.0 normalizes floating -0.0 → 0.0 so the count matches
    // engines that collapse the two (the cast-to-string oracle does).
    val cachedOpt = if (exact) Some(df.persist()) else None
    val exactDistinct: Map[String, Long] =
      cachedOpt match {
        case None => Map.empty
        case Some(cached) =>
          cached.count() // materialize the cache with ONE source scan
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          implicit val ec: ExecutionContext = ExecutionContext.global
          val jobs = fields.map { f =>
            val v = f.dataType match {
              case FloatType | DoubleType => col(f.name) + lit(0.0)
              case _ => col(f.name)
            }
            Future(f.name ->
              cached.select(countDistinct(v).as("n")).head().getLong(0))
          }
          Await.result(Future.sequence(jobs), Duration.Inf).toMap
      }
    val statCols: Seq[Column] = count(lit(1)).as("n_rows") +: fields.flatMap { f =>
      val c = col(f.name)
      val base = Seq(count(c).as(s"${f.name}__nonnull")) ++
        (if (exact) Nil
         else Seq(graft.functions.Kmv.distinctCountHashed(col(s"__h52_${f.name}"))
           .as(s"${f.name}__distinct")))
      val typed = f.dataType match {
        case _: NumericType => Seq(
          min(c).cast("double").as(s"${f.name}__min_num"),
          max(c).cast("double").as(s"${f.name}__max_num"),
          graft.sqlx.Exact.decSumAgg(c).as(s"${f.name}__sum"))
        case StringType => Seq(
          min(c).as(s"${f.name}__min_str"),
          max(c).as(s"${f.name}__max_str"))
        case DateType | TimestampType | TimestampNTZType => Seq(
          min(c).cast("date").as(s"${f.name}__min_date"),
          max(c).cast("date").as(s"${f.name}__max_date"))
        case _ => Nil
      }
      base ++ typed
    }
    // the 1-row stats result is checkpointed so the per-column selects
    // below re-read a materialized row instead of re-running the aggregate;
    // in exact mode it reads the shared cache (localCheckpoint is eager,
    // so the unpersist below never races the stats job)
    val row = cachedOpt.getOrElse(src).agg(statCols.head, statCols.tail: _*).transform(graft.sqlx.Lineage.truncate)
    cachedOpt.foreach(_.unpersist(false))

    val nullD = lit(null).cast("double")
    val nullS = lit(null).cast("string")
    val nullDt = lit(null).cast("date")
    val perColumn = fields.map { f =>
      val nn = col(s"${f.name}__nonnull")
      val (minN, maxN, mean) = f.dataType match {
        case _: NumericType => (
          col(s"${f.name}__min_num"), col(s"${f.name}__max_num"),
          graft.sqlx.Exact.r4(col(s"${f.name}__sum") / nn.cast("double")))
        case _ => (nullD, nullD, nullD)
      }
      val (minS, maxS) = f.dataType match {
        case StringType => (col(s"${f.name}__min_str"), col(s"${f.name}__max_str"))
        case _ => (nullS, nullS)
      }
      val (minDt, maxDt) = f.dataType match {
        case DateType | TimestampType | TimestampNTZType =>
          (col(s"${f.name}__min_date"), col(s"${f.name}__max_date"))
        case _ => (nullDt, nullDt)
      }
      row.select(
        lit(tableName).as("table_name"),
        lit(f.name).as("column_name"),
        lit(f.dataType.simpleString).as("data_type"),
        col("n_rows"),
        nn.as("n_nonnull"),
        (col("n_rows") - nn).as("n_nulls"),
        (if (exact) lit(exactDistinct.getOrElse(f.name, 0L))
         else col(s"${f.name}__distinct")).as("n_distinct"),
        minN.as("min_num"), maxN.as("max_num"), mean.as("mean"),
        minS.as("min_str"), maxS.as("max_str"),
        minDt.as("min_date"), maxDt.as("max_date"))
    }
    perColumn.reduce(_ unionByName _)
  }
}
