package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a local SparkSession: every main and the
  * spec suite get the same settings, so a plan or a timing taken under one
  * of them holds under the others. */
object Session {
  /** Cores from `SPARK_GRAFT_CPUS`, else the host's available processors. */
  def envCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // the statement/feature frames carry 100-400 columns; the default
      // maxFields=100 silently disables whole-stage codegen for every plan
      // that touches them, dropping the hot path to interpreted evaluation
      .config("spark.sql.codegen.maxFields", "500")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
