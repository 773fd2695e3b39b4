package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run of one workload in a fresh JVM.
  *
  * Usage: Main <workload> <inputDir> <runDir> <seconds> <trace 0|1> <seed>
  *
  * Prints nothing on success but Spark's own logging; the result (timings,
  * digests, counters, host facts and, when tracing, spans and jobs) goes to
  * `<runDir>/result.json`, which `run.py` checks and reports. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, input, runDir, secondsArg, traceArg, seedArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.maxFields", "500")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.checkpoint.dir", s"$runDir/checkpoint")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.sc = spark.sparkContext
    Trace.enabled = trace
    spark.sparkContext.addSparkListener(Trace.Listener)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val origin = System.nanoTime()

    val w: Workload = workload match {
      case "research_daily" => new Research(input, runDir)
      case "corpus_curation" => new CorpusCuration(input, runDir)
      case other => sys.error(s"unknown workload $other")
    }
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seedArg.toLong, "trace" -> trace,
      "session_s" -> sessionS)
    out ++= w.run(spark, seconds)
    val post = mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def lap(name: String): Unit = {
      val now = System.nanoTime(); post(name) = (now - mark) / 1e9; mark = now
    }

    // retained heap: after the last iteration, derived state released the
    // way a long-lived service would between nightly runs, then full GC
    out("sqlx.frames_cached") = graft.sqlx.FrameCache.size
    out("sqlx.memo_entries") = graft.sqlx.Memo.size
    graft.sqlx.FrameCache.clearSessionStores()
    lap("clear_s")
    out ++= w.checks(spark)
    lap("checks_s")
    out("retained_mb") = retainedMb()
    lap("gc_s")
    out ++= jvmFacts(spark)
    if (trace) out("trace") = Json.Raw(Trace.dump(origin))
    out("calls") = Trace.calls.asScala.toSeq.map { case (i, l, n, ns) =>
      Seq(i, l, n, ns / 1e9) }
    out("post") = post
    val f = new java.io.File(runDir, "result.json")
    java.nio.file.Files.write(f.toPath, Json.value(out).getBytes("UTF-8"))
    spark.stop()
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => java.nio.file.Files.delete(x))
  }

  /** Files and MB the store layers left under `java.io.tmpdir` (every
    * staged store is a `graft-*` entry there) since the last reset. */
  def storeFiles(): (Long, Double) = {
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val files = java.nio.file.Files.walk(tmp).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        tmp.relativize(p).getName(0).toString.startsWith("graft-"))
      .map(p => java.nio.file.Files.size(p)).toSeq
    (files.size.toLong, files.sum / 1048576.0)
  }

  /** Heap used after a full GC, the least of five tries: a listener or
    * cleaner thread still holding garbage can only inflate one reading. */
  def retainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 5).map { _ =>
      System.gc(); Thread.sleep(100); mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def jitSeconds(): Double =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime / 1000.0)
      .getOrElse(0.0)

  /** Process-wide counters and the JVM/Spark facts of the run. */
  def jvmFacts(spark: SparkSession): Map[String, Any] = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val compile = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot
    val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val storage = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum
    Map(
      "jvm.gc_s" -> gcSeconds(),
      "jvm.jit_s" -> jitSeconds(),
      "jvm.heap_peak_mb" -> heapPeak,
      "codegen.compile_s" -> compile.getMean * classes / 1000.0,
      "codegen.classes" -> classes,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-X")).toSeq,
      "spark_storage_mb" -> storage / 1048576.0,
      "cpus" -> Runtime.getRuntime.availableProcessors)
  }

  /** Order-insensitive content digest of a frame: row count plus the sum
    * of per-row xxhash64 (folded to 31 bits so the sum cannot overflow). */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.select(pmod(h, lit(2147483647L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

}

/** A workload: `run` does setup, the cold first iteration and the timed
  * warm phase; `checks` runs once afterwards, outside every timer. */
trait Workload {
  def run(spark: SparkSession, seconds: Double): Map[String, Any]
  def checks(spark: SparkSession): Map[String, Any]
}
