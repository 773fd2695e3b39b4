package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // published for SparkEntry.oracleSql's no-arg contract form (the
    // model-scored oracles are generated against this dir's fitted model)
    sys.props("graft.sf.dir") = sfDir
    // optional extra args: restrict the dump to these query names (dev loop)
    val only = args.drop(2).toSet
    val spark = Session.local(Session.envCpus)
    new java.io.File(outDir).mkdirs()
    // Per-query outcome ledger, persisted as VERIFY_LOCAL.json: the round-10
    // driver artifact landed literally empty ({}), erasing the round's hard
    // correctness signal — the builder-side sweep now leaves its own record
    // (rows written per query, or the error) so a dead driver host can
    // never again take the only evidence with it.
    val outcomes = scala.collection.mutable.LinkedHashMap.empty[String, Either[String, Long]]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // parquet footer metadata count — no recompute of the query
        outcomes(name) = Right(spark.read.parquet(s"$outDir/$name").count())
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: $e")
        e.printStackTrace()
        outcomes(name) = Left(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql(spark, sfDir, only)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val nErr = outcomes.count(_._2.isLeft)
    val perQuery = outcomes.map {
      case (k, Right(rows)) => s"${q(k)}:{\"rows\":$rows}"
      case (k, Left(err))   => s"${q(k)}:{\"err\":${q(err)}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/VERIFY_LOCAL.json"),
      s"""{"sf":${q(sfDir)},"n_queries":${outcomes.size},"n_err":$nErr,"queries":$perQuery}""")
    println(s"[verify] ${outcomes.size} queries dumped, $nErr errors -> $outDir/VERIFY_LOCAL.json")
    spark.stop()
  }
}
